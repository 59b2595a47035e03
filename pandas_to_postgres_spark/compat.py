"""Reference-compatible API surface.

The reference exports (`/root/reference/pandas_to_postgres/__init__.py:1-11`):
``DataFrameCopy, HDFTableCopy, SmallHDFTableCopy, BigHDFTableCopy,
ParquetCopy, hdf_to_postgres, create_hdf_table_objects, copy_worker,
hdf_metadata, create_file_object, df_generator, cast_pandas, get_logger``.

This module gives a user of the reference the same verbs on Spark. The copy
classes keep the ``(source..., defer_sql_objs, conn, table_obj,
csv_chunksize).copy()`` shape but take a SparkSession + sink; the pickle
machinery (``defer_sql_objs``, ``copy_worker`` engine rebuilds) has no Spark
equivalent to need.
"""

from __future__ import annotations

import logging
import sys
from typing import Callable, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from pandas_to_postgres_spark.functions.normalize import apply_formatters
from pandas_to_postgres_spark.orchestration import copy_tables, resolve_routing, union_sources
from pandas_to_postgres_spark.sources.hdf import (
    DEFAULT_CHUNK_ROWS,
    hdf_metadata,
    load_hdf_distributed,
)

#: ``sink(table_name, df)``; a sink that returns the rows it loaded spares
#: the copy classes a second scan of the source to count them
Sink = Callable[[str, DataFrame], Optional[int]]


def get_logger(name: str) -> logging.Logger:
    """`utilities.py:10-14`."""
    return logging.getLogger(f"pandas_to_postgres_spark.{name}")


class _BaseCopy:
    """Common copy shape: source DataFrame → formatter chain → sink
    (`/root/reference/pandas_to_postgres/_base_copy.py`), minus the
    constraint/txn plumbing which lives in sinks.postgres_copy."""

    def __init__(self, sink: Sink, table_name: str, formatters: Sequence = ()):
        self.sink = sink
        self.table_name = table_name
        self.formatters = formatters
        self.rows = 0

    def _run(self, df: DataFrame, **formatter_kwargs) -> None:
        df = apply_formatters(
            df, self.formatters, copy_obj=self, **formatter_kwargs
        )
        self._sink(df)

    def _sink(self, df: DataFrame) -> None:
        n = self.sink(self.table_name, df)
        self.rows = n if isinstance(n, int) else df.count()


class DataFrameCopy(_BaseCopy):
    """`copy_df.py:11-55` — in-memory pandas DataFrame → sink."""

    def __init__(
        self,
        df: pd.DataFrame,
        spark: SparkSession,
        sink: Sink,
        table_name: str,
        formatters: Sequence = (),
    ):
        super().__init__(sink, table_name, formatters)
        self.df = df
        self.spark = spark

    def copy(self) -> None:
        self._run(self.spark.createDataFrame(self.df))


class HDFTableCopy(_BaseCopy):
    """`copy_hdf.py:14-121` — HDF keys → union → sink, each key through
    the distributed range scan. ``big=True`` reads ``hdf_chunksize``-row
    ranges (BigHDFTableCopy, `copy_hdf.py:175-230`); ``big=False`` reads
    each key as one range (Small/plain, `:82-163`).

    Unformatted keys of one table with the same columns (in any order)
    load as ONE scan (`sources/hdf.SliceScan`), whose COPY tasks read the
    slices themselves; a formatter that transforms the frame loads that
    key through Spark's plain DataFrame, with the same rows."""

    def __init__(
        self,
        file_name: str,
        hdf_tables: Sequence[str],
        spark: SparkSession,
        sink: Sink,
        table_name: str,
        big: bool = False,
        hdf_chunksize: int = DEFAULT_CHUNK_ROWS,
        formatters: Sequence = (),
        metadata_vars: Optional[dict] = None,
    ):
        super().__init__(sink, table_name, formatters)
        self.file_name = file_name
        self.hdf_tables = hdf_tables
        self.spark = spark
        self.big = big
        self.hdf_chunksize = hdf_chunksize
        # {metadata_attr: {hdf_key: value}} from hdf_metadata — per-key
        # constants injected into formatter kwargs (`copy_hdf.py:44-46`)
        self.metadata_vars = metadata_vars or {}

    def _key_kwargs(self, key: str) -> dict:
        """Formatter kwargs for one HDF key: the key name itself
        (`copy_hdf.py:105` injects ``hdf_table``) plus every metadata
        constant recorded for that key."""
        kw = {"hdf_table": key}
        for attr, per_key in self.metadata_vars.items():
            if key in per_key:
                kw[attr] = per_key[key]
        return kw

    def _load(self, formatted: bool = True) -> DataFrame:
        chunk_rows = self.hdf_chunksize if self.big else sys.maxsize
        parts = []
        for k in self.hdf_tables:
            df = load_hdf_distributed(self.spark, self.file_name, k, chunk_rows)
            if formatted:
                # per-key application so hooks see THIS key's constants,
                # matching the reference's per-table loop (`copy_hdf.py:98-120`)
                df = apply_formatters(
                    df, self.formatters, copy_obj=self, **self._key_kwargs(k)
                )
            parts.append(df)
        return union_sources(parts)

    def copy(self) -> None:
        self._sink(self._load(formatted=True))


class SmallHDFTableCopy(HDFTableCopy):
    """`copy_hdf.py:124-163`."""

    def __init__(self, *args, **kwargs):
        kwargs["big"] = False
        super().__init__(*args, **kwargs)


class BigHDFTableCopy(HDFTableCopy):
    """`copy_hdf.py:166-230`."""

    def __init__(self, *args, **kwargs):
        kwargs["big"] = True
        super().__init__(*args, **kwargs)


class ParquetCopy(_BaseCopy):
    """`copy_parquet.py:14-126` — the small/big strategy choice disappears:
    Spark's parquet scan is already row-group parallel."""

    def __init__(
        self,
        file_name: str,
        spark: SparkSession,
        sink: Sink,
        table_name: str,
        formatters: Sequence = (),
    ):
        super().__init__(sink, table_name, formatters)
        self.file_name = file_name
        self.spark = spark

    def copy(self) -> None:
        self._run(self.spark.read.parquet(self.file_name))


def create_hdf_table_objects(
    file_name: str,
    sql_to_hdf: dict[str, set[str]],
    spark: SparkSession,
    sink: Sink,
    big: bool = False,
    hdf_chunksize: int = DEFAULT_CHUNK_ROWS,
    formatters: Sequence = (),
    metadata_vars: Optional[dict] = None,
) -> list[HDFTableCopy]:
    """`hdf_to_postgres.py:10-46` — one copy object per SQL table."""
    return [
        HDFTableCopy(
            file_name, sorted(keys), spark, sink, table, big, hdf_chunksize,
            formatters, metadata_vars,
        )
        for table, keys in sql_to_hdf.items()
    ]


def hdf_to_postgres(
    file_name: str,
    spark: SparkSession,
    sink: Sink,
    keys: Optional[Sequence[str]] = None,
    metadata_attr: Optional[str] = None,
    metadata_keys: Sequence[str] = (),
    processes: Optional[int] = None,
    big: bool = False,
    hdf_chunksize: int = DEFAULT_CHUNK_ROWS,
    formatters: Sequence = (),
) -> None:
    """`hdf_to_postgres.py:106-201` — discovery → routing → per-table copy,
    serial or concurrent (driver threads replace the Pool). The metadata
    constants harvested by ``hdf_metadata`` are threaded into formatter
    kwargs per HDF key (`copy_hdf.py:44-46,105`), so metadata-driven hooks
    written against the reference see the same per-table values here."""
    sql_to_hdf, meta = hdf_metadata(file_name, None, metadata_attr, metadata_keys)
    routing = resolve_routing(sql_to_hdf, keys)
    copies = create_hdf_table_objects(
        file_name, routing, spark, sink, big, hdf_chunksize, formatters, meta
    )
    copy_tables(
        {c.table_name: c._load(formatted=True) for c in copies},
        sink,
        processes,
    )


# --------------------------------------------------------------------------
# pandas-level utility parity (`/root/reference/pandas_to_postgres/
# utilities.py:76-167`, `hdf_to_postgres.py:49-103`): same names, same
# contracts, so reference call sites keep working. In the Spark engine these
# are the slow path — the DataFrame-native equivalents are
# `functions.normalize.cast_to_target_schema`, the Arrow CSV stream of
# `sinks.postgres_copy` (`_ArrowCsvStream`), and the Spark scheduler — but
# user code importing the old names gets faithful behavior.


def create_file_object(df: pd.DataFrame):
    """pandas DataFrame → in-memory CSV StringIO (header included), the
    reference's wire format toward COPY (`utilities.py:76-92`)."""
    import io

    file_object = io.StringIO()
    df.to_csv(file_object, index=False)
    file_object.seek(0)
    return file_object


def df_generator(df: pd.DataFrame, chunksize: int = 10**6, logger=None):
    """Yield row-range chunks of a pandas DataFrame (`utilities.py:95-116`);
    an empty frame still yields one (empty) chunk — empty input is valid."""
    rows = 0
    n_chunks = max(-(-df.shape[0] // chunksize), 1)
    for _ in range(n_chunks):
        yield df.iloc[rows : rows + chunksize]
        rows += chunksize


def cast_pandas(df: pd.DataFrame, columns=None, copy_obj=None, logger=None, **kwargs):
    """Nullable int/bool normalization (`utilities.py:119-167`): columns
    whose target type reads INTEGER/BIGINT become pandas Int64; BOOLEAN
    becomes object with None for missing. ``columns`` is any iterable of
    objects with ``.name``/``.type`` (SQLAlchemy Columns or the engine's
    TargetTable fields); missing df columns are skipped with a warning.

    In Spark the workaround is unnecessary (natively nullable primitives) —
    kept for pandas-side call sites only."""
    if columns is None and copy_obj is not None:
        columns = getattr(copy_obj, "columns", None) or getattr(
            getattr(copy_obj, "table_obj", None), "columns", None
        )
    if columns is None:
        raise ValueError("cast_pandas requires columns or copy_obj")
    log = logger or get_logger("cast_pandas")
    for col in columns:
        type_str = str(col.type).upper()
        try:
            if type_str in ("INTEGER", "BIGINT"):
                df[col.name] = df[col.name].astype("Int64")
            elif type_str == "BOOLEAN":
                df[col.name] = df[col.name].map(
                    lambda x: None if pd.isna(x) else bool(x)
                )
        except KeyError:
            log.warning("%s not in DataFrame; skipping", col.name)
    return df


def copy_worker(copy_obj, *args, maintenance_work_mem=None, **kwargs):
    """Reference's per-process worker (`hdf_to_postgres.py:49-103`) ran one
    copy in a forked process with a fresh engine. On Spark the scheduler
    owns parallelism and executors own connections, so the worker reduces
    to invoking the copy — kept so orchestration code written against the
    reference API still runs."""
    copy_obj.copy()
    return copy_obj.rows
